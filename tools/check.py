"""Local correctness checker — mirrors the driver's t2 gate.

For every registered query: run the PySpark implementation and the DuckDB
oracle on the same sf dir, compare row count, column names, and
order-insensitive values. Stricter than a hash: values are compared
after sorting, exactly (strings/ints) or bit-exactly for floats (queries
are expected to round any accumulation-order-sensitive float output).

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

from streamprocessing_spark.registry import all_specs  # noqa: E402
from streamprocessing_spark.session import get_spark  # noqa: E402
from streamprocessing_spark.shared_views import release_shared_views  # noqa: E402
from streamprocessing_spark.sources.readers import TABLES  # noqa: E402


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NaN"
        return repr(v)
    if isinstance(v, bytes):
        return "bytes:" + v.hex()
    return str(v)


def _norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def check_query(spark, con, name, spec, sf_dir) -> dict:
    out = {"name": name, "ok": False, "detail": ""}
    t0 = time.time()
    try:
        sdf = spec.fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        out["detail"] = f"spark error: {e}"
        return out
    if spec.oracle is None:
        out["ok"] = True
        out["detail"] = f"rows-only: {len(s_rows)} rows"
        out["secs"] = round(time.time() - t0, 2)
        return out
    try:
        rel = con.sql(spec.oracle)
        d_cols = list(rel.columns)
        d_rows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        out["detail"] = f"duckdb error: {e}"
        return out
    if sorted(s_cols) != sorted(d_cols):
        out["detail"] = f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
        return out
    # column TYPES must align too (the driver may compare typed schemas)
    duck_to_spark = {
        "BIGINT": "bigint", "INTEGER": "int", "DOUBLE": "double", "FLOAT": "float",
        "VARCHAR": "string", "BLOB": "binary", "TIMESTAMP": "timestamp",
        "DATE": "date", "BOOLEAN": "boolean",
    }
    s_types = dict(sdf.dtypes)
    d_types = dict(zip(rel.columns, [str(t) for t in rel.types]))
    for col, dt in d_types.items():
        expected = duck_to_spark.get(dt, dt.lower())
        if s_types.get(col) != expected:
            out["detail"] = (
                f"type mismatch on {col!r}: spark={s_types.get(col)} duck={dt}"
            )
            return out
    if len(s_rows) != len(d_rows):
        out["detail"] = f"row count mismatch: spark={len(s_rows)} duck={len(d_rows)}"
        return out
    ns, nd = _norm_rows(s_cols, s_rows), _norm_rows(d_cols, d_rows)
    if ns != nd:
        # multiset difference (zip of two sorted lists misaligns after the
        # first differing row and misreports everything downstream)
        from collections import Counter

        only_spark = list((Counter(ns) - Counter(nd)).elements())
        only_duck = list((Counter(nd) - Counter(ns)).elements())
        out["detail"] = (
            f"value mismatch ({len(only_spark)} rows differ); "
            f"spark-only e.g. {only_spark[:2]}, oracle-only e.g. {only_duck[:2]}"
        )
        return out
    out["ok"] = True
    out["detail"] = f"{len(s_rows)} rows match"
    out["secs"] = round(time.time() - t0, 2)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    specs = all_specs()
    names = args.queries or list(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("check")
    con = duck_connect(args.sf)
    failures = 0
    for n in names:
        r = check_query(spark, con, n, specs[n], args.sf)
        status = "OK  " if r["ok"] else "FAIL"
        print(f"{status} {n}: {r['detail']}")
        failures += 0 if r["ok"] else 1
    release_shared_views(spark)  # the ingest twins' stores go with their views
    print(f"\n{len(names) - failures}/{len(names)} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
