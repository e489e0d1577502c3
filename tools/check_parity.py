"""Local pre-flight for the driver's t2 gate: run every queries() entry
and compare against oracle_sql() via DuckDB on the same parquet tables.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from bench import spark_session

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v, is_float):
    # Round ONLY declared-float columns; integer columns compare exactly.
    # (An earlier version normalized every numeric cell, which masked the
    # DuckDB sum(BIGINT)->HUGEINT type mismatch the driver's hash catches.)
    if is_float and isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def duck_type_to_spark(t) -> str:
    """Map a DuckDB column type to the Spark simpleString it should hash
    like.  HUGEINT/UHUGEINT deliberately have no mapping — DuckDB
    sum(BIGINT) returns int128, which the driver's value-hash treats as a
    different type from Spark's bigint even when values are equal."""
    s = str(t).upper()
    if s.startswith("DECIMAL"):
        return s.lower()
    return {
        "BIGINT": "bigint",
        "INTEGER": "int",
        "SMALLINT": "smallint",
        "TINYINT": "tinyint",
        "UBIGINT": "ubigint",
        "HUGEINT": "hugeint",
        "UHUGEINT": "uhugeint",
        "DOUBLE": "double",
        "FLOAT": "float",
        "VARCHAR": "string",
        "BOOLEAN": "boolean",
        "TIMESTAMP": "timestamp",
        "TIMESTAMP WITH TIME ZONE": "timestamp",
        "DATE": "date",
        "BLOB": "binary",
    }.get(s, s.lower())


INT_WIDTHS = {"tinyint", "smallint", "int", "bigint"}


def norm_type(t) -> str:
    # The driver's value-hash compares Python-converted cells, so integer
    # WIDTH differences (int32 vs int64) hash equal — but DuckDB HUGEINT
    # (int128, from sum(BIGINT)) crosses to Arrow as float64 and fails.
    # Collapse widths; keep hugeint distinct so that class still trips.
    s = str(t).lower()
    return "int" if s in INT_WIDTHS else s


def norm_rows(cols, types, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    is_float = [str(types[i]).lower() in ("double", "float") for i in range(len(cols))]
    out = [tuple(norm_cell(r[i], is_float[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], [norm_type(types[i]) for i in idx], out


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark, _ = spark_session("parity-check", cpus=8, driver_memory="4g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(rows)} rows (no oracle)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [duck_type_to_spark(t) for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        stypes = [f.dataType.simpleString() for f in df.schema.fields]
        scols, sts, srows = norm_rows(cols, stypes, rows)
        dcols, dts, drows = norm_rows(ocols, otypes, orows)
        if scols != dcols:
            print(f"FAIL  {name}: columns {scols} != {dcols}")
            n_fail += 1
            continue
        if sts != dts:
            diff = [
                f"{c}: spark={a} duckdb={b}"
                for c, a, b in zip(scols, sts, dts)
                if a != b
            ]
            print(f"FAIL  {name}: type mismatch — {'; '.join(diff)}")
            n_fail += 1
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(drows)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(srows, drows) if a != b]
        if bad:
            print(f"FAIL  {name}: {len(bad)} mismatched rows; first: {bad[0]}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
