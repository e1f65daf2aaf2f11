"""The catalog layer: a fixed dataset and a slice of catalog queries, each
run once untimed and checked against its golden digest, then timed once.

The tables copy the schemas of the repository's synthetic test tables
(``documents``, ``embeddings``, ``customer``, ``orders``, ``lineitem``) at a
small, fixed size.  Only those five tables are generated: they are all the
queries below read.  The dataset does not depend on
the run's seed, so the golden digests in ``catalog_golden.json`` apply to
every run.  ``write_golden`` recomputes them, and writes them only when
every query's Spark output equals its DuckDB oracle's output after the
normalisation of ``tools/check_parity.py``.
"""

from __future__ import annotations

import json
import math
import os
import random
import time
from datetime import datetime, timedelta

from servebench.corpus import digest, make_corpus

# A control (tpch_q18), the catalog's session-pinned BM25 index as a
# contrast to the serving path (hybrid_rrf), the MMR rerank (knn_mmr) and
# the iterative queries whose job overhead ROADMAP Direction E targets.
QUERIES = (
    "tpch_q18", "hybrid_rrf", "knn_mmr", "dsir_select", "supplier_bt",
    "parts_pagerank", "parts_graph_metrics", "decontaminate_bloom",
)
TABLES = ("documents", "embeddings", "customer", "orders", "lineitem")

# Rows per table: about a fifth of the repository's sf0.01 tables.  The
# queries are bound by job overhead at this size, not by data volume.
SIZES = {"documents": 200, "embeddings": 200, "customer": 300, "orders": 3000,
         "part": 400, "supplier": 20}
DATASET_SEED = 0
GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_golden.json")


def write_tables(out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(f"catalog:{DATASET_SEED}")

    def put(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(pa.table(cols, schema=schema), f"{out_dir}/{name}.parquet")

    docs = make_corpus(DATASET_SEED, SIZES["documents"], n_needles=0).docs
    put("documents", {
        "doc_id": [d.doc_id for d in docs], "text": [d.text for d in docs],
        "lang": [d.lang for d in docs], "source": [d.source for d in docs],
        "n_chars": [len(d.text) for d in docs],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))

    vecs, labels = [], []
    for _ in range(SIZES["embeddings"]):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in v))
        vecs.append([x / n for x in v])
        labels.append(rng.randrange(10))
    put("embeddings", {"vec_id": list(range(len(vecs))), "embedding": vecs, "label": labels},
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))

    n_cust = SIZES["customer"]
    put("customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                     "FURNITURE")) for _ in range(n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))

    n_ord = SIZES["orders"]
    d0 = datetime(1995, 1, 1)
    odate = [d0 + timedelta(days=rng.randrange(2404)) for _ in range(n_ord)]
    put("orders", {
        "o_orderkey": list(range(n_ord)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
        "o_orderstatus": [rng.choice("POF") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": odate,
        "o_orderpriority": [rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW")) for _ in range(n_ord)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    for o in range(n_ord):
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(SIZES["part"]))
            li["l_suppkey"].append(rng.randrange(SIZES["supplier"]))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odate[o] + timedelta(days=rng.randint(1, 121)))
    put("lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    """Digest of the rows after the oracle comparison's normalisation."""
    from tools.check_parity import norm_rows

    return digest(norm_rows(cols, rows))


def run_slice(spark, sf_dir: str, tracer=None) -> dict:
    """Run every query once untimed and compare its digest with the golden
    one, then time one materialised rep.
    Returns {query: {"s", "jobs", "ok", "rows"}}."""
    from mcpvectordb_spark.catalog import QUERIES as CATALOG
    from mcpvectordb_spark.io import enable_table_cache

    with open(GOLDEN) as f:
        golden = json.load(f)
    enable_table_cache(spark, sf_dir, list(TABLES))
    out = {}
    for name in QUERIES:
        sdf = CATALOG[name](spark, sf_dir)
        rows = [tuple(r) for r in sdf.collect()]
        ok = rows_digest(sdf.columns, rows) == golden[name]["digest"]
        group = f"catalog:{name}"
        if tracer is not None:
            tracer.spark.begin(group)
        t = time.perf_counter()
        CATALOG[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        secs = time.perf_counter() - t
        jobs = tracer.spark.harvest(group, secs * 1000.0)["jobs"] if tracer is not None else None
        out[name] = {"s": secs, "jobs": jobs, "ok": ok, "rows": len(rows)}
    return out


def write_golden(spark, sf_dir: str) -> list[str]:
    """Recompute the golden digests from Spark after checking each query
    against its DuckDB oracle; returns the queries that disagree (the file
    is written only when none do)."""
    import duckdb

    from mcpvectordb_spark.catalog import ORACLES
    from mcpvectordb_spark.catalog import QUERIES as CATALOG
    from tools.check_parity import norm_rows

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    golden, bad = {}, []
    for name in QUERIES:
        sdf = CATALOG[name](spark, sf_dir)
        rows = [tuple(r) for r in sdf.collect()]
        cur = con.execute(ORACLES[name])
        ocols = [d[0] for d in cur.description]
        if (sorted(sdf.columns) != sorted(ocols)
                or norm_rows(sdf.columns, rows) != norm_rows(ocols, cur.fetchall())):
            bad.append(name)
        golden[name] = {"rows": len(rows), "digest": rows_digest(sdf.columns, rows)}
    con.close()
    if not bad:
        with open(GOLDEN, "w") as f:
            json.dump(golden, f, indent=1)
            f.write("\n")
    return bad
