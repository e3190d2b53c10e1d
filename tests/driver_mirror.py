"""Local mirror of the driver's correctness gate: run every
``queries()[name]`` on Spark and its ``oracle_sql()[name]`` on DuckDB over
the same parquet tables, compare row count + schema-insensitive value hash
(columns sorted by name, rows sorted, doubles rounded upstream).

Usage:  python tests/driver_mirror.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def unhashable_columns(schema) -> list[str]:
    """Columns the DRIVER's canonicalizer cannot factorize.

    The driver sorts results as a pandas DataFrame; array/map/struct
    cells arrive as lists/dicts/Rows and pandas ``factorize`` raises
    ``unhashable type`` (round-4 red row `m_census_multimodal`).  The
    local mirror stringifies cells, so without this check it stays
    green where the driver is red — certified entries must be rejected
    here instead."""
    from pyspark.sql import types as T
    return [f.name for f in schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))]


def normalize_cell(v):
    import datetime
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    try:
        # duckdb Decimal → plain number string
        import decimal
        if isinstance(v, decimal.Decimal):
            f = float(v)
            if f.is_integer():
                return str(int(f))
            return f"{f:.6g}"
    except Exception:
        pass
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(normalize_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from kgraphmemory_spark.session import get_spark

    spark = get_spark(cores=8)
    con = duck_conn(sf_dir)

    from kgraphmemory_spark.queries import _CERTIFIED_WINDOW
    certified = set(_CERTIFIED_WINDOW)

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        if name in certified:
            bad = unhashable_columns(sdf.schema)
            if bad:
                failures.append(name)
                print(f"FAIL {name}: certified entry has array/map/struct "
                      f"output columns the driver cannot canonicalize: {bad}")
                continue
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        status = []
        if name in oracles:
            try:
                res = con.execute(oracles[name])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
            except Exception as ex:
                failures.append(name)
                print(f"FAIL {name}: oracle SQL error: {ex}")
                continue
            cnt = len(srows) == len(orows)
            sch = sorted(scols) == sorted(ocols)
            vh = value_hash(scols, srows) == value_hash(ocols, orows)
            ok = cnt and sch and vh
            status = [f"rows={len(srows)}/{len(orows)}",
                      f"count={'Y' if cnt else 'N'}",
                      f"schema={'Y' if sch else 'N'}",
                      f"hash={'Y' if vh else 'N'}"]
            if not ok:
                failures.append(name)
                if not sch:
                    status.append(f"spark_cols={sorted(scols)} oracle_cols={sorted(ocols)}")
                if cnt and sch and not vh:
                    sset = {tuple(normalize_cell(x) for x in r) for r in srows}
                    oset = {tuple(normalize_cell(x) for x in r) for r in orows}
                    so = list(sset - oset)[:3]
                    os_ = list(oset - sset)[:3]
                    status.append(f"spark_only={so} oracle_only={os_}")
        else:
            status = [f"rows={len(srows)} (rows-only, no oracle)"]
            if len(srows) == 0:
                status.append("(!) empty")
        verdict = "FAIL" if name in failures else "ok"
        print(f"{verdict:4s} {name:24s} {time.time()-t0:6.1f}s  " + " ".join(status))

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print(f"all {len([n for n in qs if not only or n in only])} queries passed")
    spark.stop()


if __name__ == "__main__":
    main()
