"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema
arity, and an order-insensitive value comparison (columns sorted by
name, rows sorted by stringified values, exact cell equality).

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from big_data_pipeline_spark.io import TABLES  # noqa: E402
from big_data_pipeline_spark.session import get_spark, usable_cpus  # noqa: E402


def _canon_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr keeps full double precision — we demand exact fp equality.
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


# The driver's value-hash is TYPE-sensitive (round 1: DuckDB HUGEINT vs
# Spark BIGINT hash-mismatched on value-identical results), while this
# script's stringified compare is not. Normalize both engines' column
# types to a canonical name and fail on mismatch so the local sweep
# catches what the driver would.
_DUCK_CANON = {
    "VARCHAR": "string",
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "HUGEINT": "hugeint",
    "UBIGINT": "ubigint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "DATE": "date",
}


def _canon_duck_type(t) -> str:
    s = str(t).upper()
    if s.startswith("DECIMAL"):
        return s.lower().replace(" ", "")
    if s.endswith("[]"):
        return f"array<{_canon_duck_type(s[:-2])}>"
    return _DUCK_CANON.get(s, s.lower())


def _canon_spark_type(dt: str) -> str:
    if dt == "timestamp_ntz":
        return "timestamp"
    return dt.replace(" ", "")


# Driver evidence (round 1): int32-vs-int64 width differences hash
# EQUAL (scalar_functions, ntile, rank queries all passed with spark=int
# duck=bigint), but HUGEINT-vs-BIGINT hash DIFFERENT (q12,
# price_bucket_profile failed on value-identical results). So compare
# type *classes*, with hugeint deliberately outside the integer class.
_TYPE_CLASS = {
    "tinyint": "intN",
    "smallint": "intN",
    "int": "intN",
    "bigint": "intN",
}


def _type_mismatches(scols, sdtypes, dcols, dtypes_):
    sm = {c: _canon_spark_type(t) for c, t in sdtypes}
    dm = {c: _canon_duck_type(t) for c, t in zip(dcols, dtypes_)}
    out = []
    for c in sorted(set(sm) & set(dm)):
        a, b = sm[c], dm[c]
        if _TYPE_CLASS.get(a, a) != _TYPE_CLASS.get(b, b):
            out.append(f"{c}: spark={a} duck={b}")
    return out


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # gen_sf stress corpora write each table as a directory of
            # part files (multi-split substrate); DuckDB needs the glob
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    spark = get_spark("check-oracle", master=f"local[{usable_cpus()}]")
    qs, oracle = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        # Driver parity: its canonicalizer sorts result rows with pandas
        # (lexsort over all columns) — an array/map/struct cell is an
        # unhashable Python object there and crashes the compare
        # (round-3 CORRECTNESS err on embedding_quantize_int8).
        # Serialize complex columns in the query itself.
        complex_cols = [
            f"{fld.name}:{fld.dataType.simpleString()}"
            for fld in sdf.schema.fields
            if fld.dataType.simpleString().startswith(
                ("array<", "map<", "struct<")
            )
        ]
        if complex_cols:
            print(f"FAIL  {name}: complex output column(s) the driver "
                  f"cannot sort/hash: {complex_cols}")
            failures.append(name)
            continue
        if name not in oracle:
            print(f"weak  {name}: rows-only check, rows={len(srows)} "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracle[name])
            dcols = list(rel.columns)
            dtypes_ = list(rel.types)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        msgs = []
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            tmis = _type_mismatches(scols, sdf.dtypes, dcols, dtypes_)
            if tmis:
                ok = False
                msgs.append("coltype " + "; ".join(tmis))
        if ok:
            _, sc = _canon_rows(scols, srows)
            _, dc = _canon_rows(dcols, drows)
            if sc != dc:
                ok = False
                ndiff = sum(1 for a, b in zip(sc, dc) if a != b)
                msgs.append(f"values differ in {ndiff}/{len(sc)} rows")
                for a, b in zip(sc, dc):
                    if a != b:
                        msgs.append(f"  spark={a}")
                        msgs.append(f"  duck ={b}")
                        break
        status = "ok  " if ok else "FAIL"
        print(f"{status}  {name}: rows={len(srows)} ({time.time()-t0:.1f}s)"
              + ("" if ok else " | " + " | ".join(msgs)))
        if not ok:
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
