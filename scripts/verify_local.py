"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 on Spark AND its
oracle_sql() in DuckDB (tables pre-registered as views), then compares
row count, column names, and order-insensitive stringified values.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as E

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if isinstance(v, (list, dict, set, bytearray)):
        # Mirror the driver: its pandas sort_values canonicalizer cannot
        # sort/hash container cells and records the query as `err`.
        raise TypeError(f"unhashable type: {type(v).__name__!r} (driver-incompatible cell)")
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify_local")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            failed.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?  {name}: rows-only rows={len(srows)} ({dt:.1f}s)")
            if len(srows) == 0:
                print(f"     WARNING {name}: zero rows")
            continue
        try:
            ores = con.execute(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {ex}")
            failed.append(name)
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: schema {scols} vs {ocols}")
            failed.append(name)
            continue
        # driver sorts columns by name before hashing
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        try:
            sset = sorted(tuple(canon(r[i]) for i in order) for r in srows)
            oset = sorted(tuple(canon(r[i]) for i in oorder) for r in orows)
        except TypeError as ex:
            print(f"FAIL {name}: canonicalize error {ex}")
            failed.append(name)
            continue
        if len(sset) != len(oset):
            print(f"FAIL {name}: rowcount {len(sset)} vs {len(oset)}")
            failed.append(name)
        elif sset != oset:
            bad = next(i for i, (a, b) in enumerate(zip(sset, oset)) if a != b)
            print(f"FAIL {name}: values differ, first at {bad}:")
            print(f"  spark : {sset[bad]}")
            print(f"  oracle: {oset[bad]}")
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(sset)} ({dt:.1f}s)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
