"""Replicate a testdata sf dir N times, for timing and oracle checks beyond
bench scale.

Usage: python tools/stress.py <src_sf_dir> <replicas> <out_dir>

Each table is written N times with its parquet types kept.  Every int64
column named ``*key`` or ``*_id`` is shifted by ``r * offset`` in replica r,
with one offset over all tables, so foreign keys still join within a
replica.  Tables with no such column (region, nation) are copied once.
Then run any registry queries on the replica:

  SPARK_GRAFT_SF_DIR=<out_dir> python tools/profile_query.py <prof_dir> <query>...
  python tools/check_parity.py <out_dir> <query>...
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _keys(table: pa.Table) -> list[str]:
    return [f.name for f in table.schema
            if pa.types.is_int64(f.type) and f.name.endswith(("key", "_id"))]


def _shift(table: pa.Table, keys: list[str], delta: int) -> pa.Table:
    for c in keys:
        table = table.set_column(table.schema.get_field_index(c), c, pc.add(table[c], delta))
    return table


def replicate(src: str, replicas: int, out: str) -> None:
    tables = {f.removesuffix(".parquet"): pq.read_table(os.path.join(src, f))
              for f in sorted(os.listdir(src)) if f.endswith(".parquet")}
    offset = 1 + max(pc.max(t[c]).as_py() or 0 for t in tables.values() for c in _keys(t))
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        keys = _keys(t)
        copies = [_shift(t, keys, r * offset) for r in range(replicas if keys else 1)]
        pq.write_table(pa.concat_tables(copies), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    replicate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
