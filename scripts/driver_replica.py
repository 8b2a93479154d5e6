#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01, compare against oracle_sql()
via DuckDB (row-count + column set + order-insensitive values), and
print per-query timing so registration order can be budget-aware.

Usage: python scripts/driver_replica.py [names...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    """One comparable, exactly equal form of a cell: floats compare
    exactly, every NaN is one value and -0.0 is 0.0 (equal floats must
    share a `repr`, the sort key of `_rowset`)."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rowset(rows, cols):
    return sorted(
        (tuple(_norm(r[i]) for i in range(len(cols))) for r in rows),
        key=repr,
    )


def main() -> None:
    from bearysta_spark import get_spark

    spark = get_spark("driver_replica", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    oracle = entrymod.oracle_sql()
    queries = entrymod.queries()
    only = set(sys.argv[1:])

    results = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        status = "ok"
        detail = ""
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            spark_sec = time.perf_counter() - t0
            if name in oracle:
                t1 = time.perf_counter()
                rel = con.sql(oracle[name])
                dcols = rel.columns
                drows = rel.fetchall()
                oracle_sec = time.perf_counter() - t1
                if sorted(scols) != sorted(dcols):
                    status = "SCHEMA_MISMATCH"
                    detail = f"{scols} vs {dcols}"
                elif len(srows) != len(drows):
                    status = "ROWCOUNT_MISMATCH"
                    detail = f"{len(srows)} vs {len(drows)}"
                else:
                    idx = [dcols.index(c) for c in scols]
                    drows2 = [tuple(r[i] for i in idx) for r in drows]
                    a = _rowset(srows, scols)
                    b = _rowset(drows2, scols)
                    if a != b:
                        status = "VALUE_MISMATCH"
                        bad = next(
                            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), -1
                        )
                        detail = f"first diff row {bad}: {a[bad]} vs {b[bad]}"
            else:
                oracle_sec = 0.0
                status = "rows_only"
            results[name] = {
                "status": status,
                "rows": len(srows),
                "spark_sec": round(spark_sec, 2),
                "oracle_sec": round(oracle_sec, 2),
                "detail": detail[:300],
            }
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "status": "ERROR",
                "rows": -1,
                "spark_sec": round(time.perf_counter() - t0, 2),
                "oracle_sec": 0.0,
                "detail": f"{type(e).__name__}: {e}"[:300],
            }
        spark.catalog.clearCache()
        r = results[name]
        print(
            f"{name:32s} {r['status']:18s} rows={r['rows']:<8d} "
            f"spark={r['spark_sec']:6.2f}s oracle={r['oracle_sec']:5.2f}s {r['detail']}",
            flush=True,
        )

    bad = {k: v for k, v in results.items() if v["status"] not in ("ok", "rows_only")}
    total = sum(v["spark_sec"] + v["oracle_sec"] for v in results.values())
    print(f"\nTOTAL {len(results)} queries, {total:.1f}s, failures: {len(bad)}")
    with open("/tmp/driver_replica.json", "w") as f:
        json.dump(results, f, indent=1)
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
