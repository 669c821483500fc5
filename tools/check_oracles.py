"""Local stand-in for the driver's correctness gate: run every queries()
entry and its oracle_sql() side-by-side at a given sf, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query_name ...]
(with query names given, only those entries are checked). Spark runs on
local[$SPARK_GRAFT_CPUS] (default 8), like bench.py and bench_extra.py.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(sf_dir: str, only: list[str] | None = None) -> int:
    from otel_arrow_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            print(f"unknown query names: {unknown}")
            return 1
        qs = {n: qs[n] for n in only}
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols}")
            continue
        try:
            res = con.execute(oracles[name])
            orows = res.fetchall()
            ocols = [d[0] for d in res.description]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh = value_hash(srows, scols)
        oh = value_hash(orows, ocols)
        ok_hash = sh == oh
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} hash={'=' if ok_hash else f'{sh} vs {oh}'}"
        )
        if not ok_hash and ok_cols and ok_count:
            # show a few mismatching lines for debugging
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = {"|".join(canon(r[i]) for i in order) for r in srows}
            oset = {"|".join(canon(r[i]) for i in order) for r in orows}
            for ln in list(sset - oset)[:3]:
                print(f"   spark-only: {ln}")
            for ln in list(oset - sset)[:3]:
                print(f"   duck-only : {ln}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01",
            sys.argv[2:] or None,
        )
    )
