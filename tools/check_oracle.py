"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares against
``oracle_sql()`` via DuckDB: row count, column names, and an
order-insensitive value multiset (values normalized: floats rounded to 9
dp, everything else stringified). Usage::

    python tools/check_oracle.py [query ...] [--json PATH]

Spark runs on ``local[$SPARK_GRAFT_CPUS]``, or on every CPU when that is
unset. Exits non-zero on any failure, on an unknown query name, and when
no query ran.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import Counter

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SF_DIR = "/root/testdata/sf0.01"


def norm_value(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 9):.9f}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def frame_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm_value(r[i]) for i in order) for r in rows)


def compare(scols, srows, ocols, orows) -> dict[str, bool]:
    """Column names, row count and the value multiset of a Spark result
    against its oracle's."""
    ok_cols = sorted(scols) == sorted(ocols)
    return {
        "cols_match": ok_cols,
        "rows_match": len(srows) == len(orows),
        "values_match": ok_cols and frame_multiset(scols, srows) == frame_multiset(ocols, orows),
    }


def main() -> int:
    from sssom_curator_spark.session import get_spark

    import __spark_entry__ as entrymod

    parser = argparse.ArgumentParser(description="Compare entry queries with their DuckDB oracles.")
    parser.add_argument("queries", nargs="*", help="query names (default: all)")
    parser.add_argument("--json", metavar="PATH", help="write the per-query report here")
    args = parser.parse_args()
    json_out = args.json
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(args.queries)
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark(master=f"local[{cpus}]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            report[name] = {"status": "FAIL", "err": str(e)[:300]}
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, {time.time()-t0:.1f}s)")
            report[name] = {"status": "rows-only", "spark_rows": len(srows)}
            continue
        try:
            odf = con.sql(oracles[name])
            ocols = odf.columns
            orows = odf.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            report[name] = {"status": "FAIL", "err": "oracle: " + str(e)[:300]}
            continue
        checks = compare(scols, srows, ocols, orows)
        ok_cols, ok_count, ok_vals = checks.values()
        report[name] = {
            "status": "PASS" if all(checks.values()) else "FAIL",
            **checks,
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
        }
        if ok_cols and ok_count and ok_vals:
            print(f"PASS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            print(
                f"FAIL  {name}: cols={ok_cols} ({sorted(scols)} vs {sorted(ocols)}) "
                f"count={ok_count} ({len(srows)} vs {len(orows)}) vals={ok_vals}"
            )
            if ok_cols and not ok_vals:
                sm = frame_multiset(scols, srows)
                om = frame_multiset(ocols, orows)
                diff_s = list((sm - om).items())[:3]
                diff_o = list((om - sm).items())[:3]
                print(f"      spark-only: {diff_s}")
                print(f"      oracle-only: {diff_o}")
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_queries": len(report),
                    "n_pass": sum(1 for r in report.values() if r["status"] == "PASS"),
                    "n_rows_only": sum(1 for r in report.values() if r["status"] == "rows-only"),
                    "n_fail": len(failures),
                    "queries": report,
                },
                fh,
                indent=1,
            )
    spark.stop()
    if not report:
        print("no query ran")
        return 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
