"""Local mimic of the driver's correctness gate: run every
``queries()`` entry at sf0.01 and compare against ``oracle_sql()``
via DuckDB — row count, sorted column names, and an order-insensitive
value hash.  Usage: python tools/check_entry.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def main():
    import __spark_entry__ as e
    from data_validation_spark.session import get_spark
    spark = get_spark()

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    only = set(sys.argv[1:])
    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {type(ex).__name__}: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows ({time.time()-t0:.1f}s)"
                  f" [no oracle]")
            continue
        try:
            odf = con.sql(oracles[name])
            ocols = [d[0] for d in odf.description]
            orows = odf.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {type(ex).__name__}: {ex}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_n = len(srows) == len(orows)
        sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
        if ok_cols and ok_n and sh == oh:
            print(f"OK    {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures += 1
            print(f"FAIL  {name}: cols={ok_cols} ({sorted(scols)} vs "
                  f"{sorted(ocols)}) n={len(srows)}/{len(orows)} "
                  f"hash={sh}/{oh}")
            if ok_cols and not (sh == oh):
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {tuple(norm_cell(r[i]) for i in order) for r in srows}
                oord = sorted(range(len(ocols)), key=lambda i: ocols[i])
                oset = {tuple(norm_cell(r[i]) for i in oord) for r in orows}
                for x in list(sset - oset)[:3]:
                    print(f"        spark-only: {x}")
                for x in list(oset - sset)[:3]:
                    print(f"        oracle-only: {x}")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
