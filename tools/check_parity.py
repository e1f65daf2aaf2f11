"""Local replica of the driver's t2 correctness gate: run every catalog
query on Spark AND its DuckDB oracle at the given sf dir, compare row
counts, column names, and order-insensitive values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

sys.path.insert(0, ".")

import duckdb

from mcpvectordb_spark.catalog import ORACLES, QUERIES
from mcpvectordb_spark.session import get_spark

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    # NULL- and mixed-type-safe ordering (norm_cell maps NaN → the STRING
    # 'nan', so a float column can hold both floats and strings): sort on
    # (presence, type name, repr) — only determinism matters, and it is
    # identical on the Spark and DuckDB sides by construction
    return sorted(
        normed,
        key=lambda row: tuple(
            (c is not None, type(c).__name__, repr(c)) for c in row
        ),
    )


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per testdata table at ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def check_query(spark, con, sf_dir: str, name: str) -> tuple[bool, str]:
    """Run query ``name`` on Spark and its oracle on ``con``; return
    (passed, the report line)."""
    try:
        sdf = QUERIES[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:
        return False, f"FAIL {name}: spark error: {type(exc).__name__}: {str(exc)[:300]}"
    sql = ORACLES.get(name)
    if sql is None:
        status = "ROWS-ONLY" if len(srows) > 0 else "ROWS-ONLY-EMPTY!"
        return bool(srows), f"{'ok  ' if srows else 'WARN'} {name}: {status} rows={len(srows)}"
    try:
        # .df() first: pandas dtypes are what the driver's value-hash
        # serializes (HUGEINT -> float64 there, but Python int via
        # fetchall) -- keep both views so dtype-kind skew is caught.
        odf = con.execute(sql).df()
        ocols = list(odf.columns)
        orows = list(con.execute(sql).fetchall())
    except Exception as exc:
        return False, f"FAIL {name}: oracle error: {type(exc).__name__}: {str(exc)[:300]}"
    if sorted(scols) != sorted(ocols):
        return False, f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}"
    sn, on = norm_rows(scols, srows), norm_rows(ocols, orows)
    if len(sn) != len(on):
        return False, f"FAIL {name}: rowcount spark={len(sn)} oracle={len(on)}"
    mismatch = [(a, b) for a, b in zip(sn, on) if a != b]
    if mismatch:
        return False, f"FAIL {name}: {len(mismatch)}/{len(sn)} rows differ; first: spark={mismatch[0][0]} oracle={mismatch[0][1]}"
    # Dtype-kind skew: the driver hashes pandas-serialized values, where
    # int64 5 ("5") != float64 5.0 ("5.0").  A NULL-free column whose
    # kinds differ across engines passes the value compare above but
    # fails the driver hash (round-1 pack_sequences bug).
    skew = []
    sidx = {c: i for i, c in enumerate(scols)}
    for c in ocols:
        okind = odf[c].dtype.kind  # 'i', 'f', 'O', ...
        stype = dict(sdf.dtypes).get(c, "")
        skind = "i" if stype in ("bigint", "int", "smallint", "tinyint") else (
            "f" if stype in ("double", "float") else "O")
        if {okind, skind} == {"i", "f"}:
            has_null = any(r[sidx[c]] is None for r in srows)
            if not has_null:
                skew.append((c, stype, str(odf[c].dtype)))
    if skew:
        return False, f"FAIL {name}: dtype-kind skew (driver-hash hazard): {skew}"
    return True, f"ok   {name}: {len(sn)} rows match"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = only - set(QUERIES)
    if unknown:
        # a typo'd name must not produce a vacuous '0 passed, 0 failed' green
        print(f"unknown queries: {sorted(unknown)}; valid: {sorted(QUERIES)}")
        sys.exit(2)
    spark = get_spark("parity")
    con = oracle_connection(sf_dir)
    passed = failed = 0
    for name in QUERIES:
        if only and name not in only:
            continue
        ok, line = check_query(spark, con, sf_dir, name)
        print(line)
        passed += ok
        failed += not ok
    print(f"\n{passed} passed, {failed} failed")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
