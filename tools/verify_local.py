#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()[key]`` on Spark and, when an oracle exists, the
matching ``oracle_sql()[key]`` on DuckDB over the same parquet, comparing:

- row count
- sorted column names
- order-insensitive value hash (rows sorted by their full stringified
  tuple, NaN/None normalized, floats repr'd)

Usage: python tools/verify_local.py [key ...]   (default: all keys)
       SF_DIR=/root/testdata/sf0.01 python tools/verify_local.py
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        # Deliberately NOT collapsed to int when integral: the driver's
        # hasher distinguishes int from float (DuckDB HUGEINT → pandas
        # float64 failed q_agg_modern in r1 while this gate passed it).
        # Keeping repr() here makes int-vs-float oracle type drift fail
        # locally, matching the driver's comparison strictness.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):  # Spark bytearray vs DuckDB bytes
        return bytes(v).hex()
    return str(v)


def _col_order(cols: list[str]) -> list[int]:
    # lowercase sort: MUST match the case-insensitive column-name compare,
    # else 'Day' vs 'day' aliases permute cell order into a false mismatch
    return sorted(range(len(cols)), key=lambda i: cols[i].lower())


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = _col_order(cols)
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import duckdb
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.storage import (
        release_scope,
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys = sys.argv[1:] or list(qs)
    unknown = [k for k in keys if k not in qs]
    if unknown:
        print(f"unknown key(s): {', '.join(unknown)} — not in queries()")
        return 2

    spark = get_spark("verify-local")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        # driver testdata ships flat files; make_sfscale.py perf dirs are
        # Spark directory outputs — register whichever shape exists
        p = f"{SF_DIR}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")

    failures, passed, rows_only = [], 0, 0
    for key in keys:
        t0 = time.time()
        try:
            with release_scope():  # free the key's stored blocks after it
                sdf = qs[key](spark, SF_DIR)
                spark_rows = [tuple(r) for r in sdf.collect()]
                spark_cols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            failures.append((key, f"SPARK ERROR: {type(e).__name__}: {str(e)[:300]}"))
            print(f"[FAIL] {key}: spark error")
            continue
        if key not in oracles:
            rows_only += 1
            print(f"[rows-only] {key}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[key])
            duck_cols = list(rel.columns)
            duck_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((key, f"DUCKDB ERROR: {type(e).__name__}: {str(e)[:300]}"))
            print(f"[FAIL] {key}: duckdb error")
            continue
        try:
            problems = []
            if len(spark_rows) != len(duck_rows):
                problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
                problems.append(f"cols spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            if not problems:
                hs = _hash_rows(spark_cols, spark_rows)
                hd = _hash_rows(duck_cols, duck_rows)
                if hs != hd:
                    problems.append(f"value-hash spark={hs} duck={hd}")
                    # show first differing rows for debugging
                    order_s = _col_order(spark_cols)
                    order_d = _col_order(duck_cols)
                    ls = sorted("|".join(_norm_cell(r[i]) for i in order_s) for r in spark_rows)
                    ld = sorted("|".join(_norm_cell(r[i]) for i in order_d) for r in duck_rows)
                    for a, b in zip(ls, ld):
                        if a != b:
                            problems.append(f"  first diff:\n   spark: {a[:220]}\n   duck : {b[:220]}")
                            break
        except Exception as e:  # noqa: BLE001 — a weird cell must not kill the run
            problems = [f"COMPARE ERROR: {type(e).__name__}: {str(e)[:200]}"]
        if problems:
            failures.append((key, "; ".join(problems)))
            print(f"[FAIL] {key}: {problems[0]}")
        else:
            passed += 1
            print(f"[ok] {key}: {len(spark_rows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{passed} matched, {rows_only} rows-only, {len(failures)} failed / {len(keys)} keys")
    for k, msg in failures:
        print(f"--- {k}\n{msg}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
