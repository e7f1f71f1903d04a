"""Replicate the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at a given sf, compare
row count, column names, and an order-insensitive value hash.

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

# import the engine from this checkout, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from logminer_kafka_connect_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return h, len(rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs = entry_mod.queries()
    unknown = sorted(only - qs.keys())
    if unknown:
        sys.exit(f"not declared entries: {' '.join(unknown)}")
    if only:
        qs = {name: fn for name, fn in qs.items() if name in only}

    spark = get_spark(app_name="parity", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(srows)} rows")
            if len(srows) == 0 and name != "cdc_replay":
                failures.append((name, "0 rows"))
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [c.lower() for c in res.columns]
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            continue
        if sorted(c.lower() for c in scols) != sorted(dcols):
            failures.append((name, f"columns {scols} vs {dcols}"))
            print(f"FAIL {name}: column mismatch {sorted(scols)} vs {sorted(dcols)}")
            continue
        sh, sn = table_hash(srows, [c.lower() for c in scols])
        dh, dn = table_hash(drows, dcols)
        if sn != dn:
            failures.append((name, f"rowcount {sn} vs {dn}"))
            print(f"FAIL {name}: rowcount {sn} vs {dn}")
        elif sh != dh:
            failures.append((name, "value hash mismatch"))
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            # show a few diffs
            sset = {"\x01".join(canon(v) for v in r) for r in srows}
            dset = {"\x01".join(canon(v) for v in r) for r in drows}
            for x in list(sset - dset)[:3]:
                print(f"  spark-only: {x[:160]}")
            for x in list(dset - sset)[:3]:
                print(f"  duck-only:  {x[:160]}")
        else:
            print(f"ok   {name}: {sn} rows, hash {sh}")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries pass")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
