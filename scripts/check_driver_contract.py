"""Replica of the driver's correctness gate: run EVERY __spark_entry__
query against its DuckDB oracle at the driver's scale factor (sf0.01)
and compare rows + schema + sorted canonical values.

tests/test_ops.py covers the SQL ops at sf0.001 on every pytest run;
this script is the full-surface pre-flight (every declared query, kernel
parquet oracles included, at the exact sf the driver uses).

Usage: python scripts/check_driver_contract.py [sf_dir]
Exits non-zero on any mismatch.
"""

from __future__ import annotations

import math
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    import __spark_entry__ as entry
    from nreadability_spark.spark.session import get_spark

    spark = get_spark("driver-contract-check", master="local[8]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    fails = 0
    for name in sorted(queries):
        try:
            sdf = queries[name](spark, sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = (sorted(scols) == sorted(dcols)
                  and len(srows) == len(drows)
                  and norm(srows, scols) == norm(drows, dcols))
            print(("PASS" if ok else "FAIL"), name, len(srows), flush=True)
            fails += 0 if ok else 1
        except Exception as exc:  # noqa: BLE001 — report, keep checking
            print("FAIL", name, f"{type(exc).__name__}: {exc}"[:160],
                  flush=True)
            fails += 1
    spark.stop()
    print("TOTAL fails:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
