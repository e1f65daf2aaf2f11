"""The traced run: the HTTP server runs inside the benchmark's process with
spans wrapped around the engine's public functions, so every request splits
over ``server``, ``api``, ``embedder``, ``ingest``, ``store``, the operators
and the Spark scheduler.  Work that runs inside Spark's Python workers
(chunking and document embedding) and the operators' execution (their
functions only build plans) are measured standalone after the timed phase.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from servebench import catalog_slice
from servebench.client import McpClient, tree_rss_mb, wait_healthy
from servebench.corpus import churn_cycles
from servebench.trace import SparkStats, Tracer, self_times
from servebench.workloads import SearchHybrid, Session, edit_cycle

REPLAYS = 2          # timed searches whose legs are replayed standalone
EMBED_SAMPLE = 400   # chunk texts embedded standalone


def install_wrappers(tracer: Tracer) -> None:
    from mcpvectordb_spark import api, server
    from mcpvectordb_spark.embedder import HashEmbedder
    from mcpvectordb_spark.store import ChunkStore

    tracer.patch(server, "call_tool", "server.call_tool",
                 on_enter=lambda a, k: tracer.spark.begin(tracer.request))
    for m in ("search", "ingest_content", "ingest_folder", "delete_document",
              "list_documents", "get_document", "list_libraries"):
        tracer.patch(api.VectorDB, m, f"api.{m}")
    for m in ("ingest_batch", "knn_topk", "bm25_topk", "rrf_topk"):
        tracer.patch(api, m, f"plan.{m}")
    for m in ("read", "append", "delete_document", "delete_documents_df",
              "list_documents", "list_libraries", "get_document"):
        tracer.patch(ChunkStore, m, f"store.{m}")
    tracer.patch(HashEmbedder, "embed_query", "embedder.embed_query")


class TraceHooks:
    """Client-side hooks: name the request before it is sent, read its Spark
    counts after the reply (outside the client's timing)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.records: list[dict] = []

    def before(self, rid: str) -> None:
        self.tracer.request = rid

    def after(self, call) -> None:
        span = next((s for s in reversed(self.tracer.spans)
                     if s.name == "server.call_tool" and s.request == call.rid), None)
        # no span: the request failed in the transport before dispatch
        span_ms = (span.end - span.start) * 1000.0 if span else 0.0
        self.records.append({
            "rid": call.rid, "tool": call.tool, "op": call.op, "phase": call.phase,
            "latency_ms": call.latency_s * 1000.0, "call_tool_ms": span_ms,
            "transport_ms": call.latency_s * 1000.0 - span_ms,
            **self.tracer.spark.harvest(call.rid, span_ms),
        })


def _measured(items: list, phase_of) -> list:
    """Timed-phase items if there are any, else set-up and probe items;
    warm-up items never count."""
    timed = [x for x in items if phase_of(x) == "timed"]
    return timed or [x for x in items if phase_of(x) in ("setup", "probe")]


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def replay_legs(db, searches: list[dict]) -> dict:
    """Each search's two legs and the fusion, collected alone on the same
    filtered store, query and candidate count as the API uses."""
    from mcpvectordb_spark.operators.bm25 import bm25_topk
    from mcpvectordb_spark.operators.hybrid import rrf_topk
    from mcpvectordb_spark.operators.knn import knn_topk
    from mcpvectordb_spark.store import build_filter

    cfg, spark = db.config, db.spark
    out = {"knn": [], "bm25": [], "rrf": []}
    for args in searches:
        k = args["top_k"]
        cand = max(k, k * cfg.refine_factor)
        chunks = db.store.read().filter(build_filter(args.get("library"), args.get("filter")))
        qv = [float(x) for x in db.embedder.embed_query(args["query"])]
        t = time.perf_counter()
        vec = knn_topk(chunks, qv, cand, tie_col="id").select("id", "score").collect()
        out["knn"].append(time.perf_counter() - t)
        t = time.perf_counter()
        bm = bm25_topk(chunks, args["query"], cand, "id", "content",
                       k1=cfg.bm25_k1, b=cfg.bm25_b).collect()
        out["bm25"].append(time.perf_counter() - t)
        vec_df = spark.createDataFrame([(r["id"], float(r["score"])) for r in vec],
                                       "doc string, score double")
        bm_df = spark.createDataFrame([(r["doc"], float(r["score"])) for r in bm],
                                      "doc string, score double")
        t = time.perf_counter()
        rrf_topk([(bm_df, "doc", "score"), (vec_df, "doc", "score")], k,
                 k0=cfg.rrf_k0, id_col="id", score_col="score").collect()
        out["rrf"].append(time.perf_counter() - t)
    return {k: _med(v) * 1000.0 for k, v in out.items()}


def standalone_text(texts: list[str]) -> dict:
    from mcpvectordb_spark.chunker import chunk_text
    from mcpvectordb_spark.config import DEFAULT
    from mcpvectordb_spark.embedder import HashEmbedder

    t = time.perf_counter()
    chunks = [c for text in texts for c in chunk_text(text, DEFAULT)]
    chunk_s = time.perf_counter() - t
    sample = chunks[:EMBED_SAMPLE]
    emb = HashEmbedder(dim=DEFAULT.embedding_dim, config=DEFAULT)
    t = time.perf_counter()
    emb.embed_documents(sample)
    embed_s = time.perf_counter() - t
    return {"chunker.ms_per_doc": chunk_s * 1000.0 / len(texts),
            "chunker.chunks_per_doc": len(chunks) / len(texts),
            "embedder.doc_ms_per_chunk": embed_s * 1000.0 / len(sample)}


def count_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def run(wl, seed: int, seconds: float, workdir: str, cpus: str) -> tuple[dict, dict]:
    """Returns (per-layer metrics, detail)."""
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ.pop("SPARK_GRAFT_UI", None)
    from mcpvectordb_spark.api import VectorDB
    from mcpvectordb_spark.server import make_http_server
    from mcpvectordb_spark.session import get_spark

    wl.prepare(workdir)
    store = os.path.join(workdir, "store")
    tracer = Tracer()
    t0 = time.perf_counter()
    spark = get_spark()
    tracer.spark = SparkStats(spark)
    install_wrappers(tracer)
    db = VectorDB(spark, store)
    httpd = make_http_server(db, "127.0.0.1", 0)
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{httpd.server_address[1]}"
        wait_healthy(url, time.monotonic() + 30)
        hooks = TraceHooks(tracer)
        sess = Session(McpClient(url), hooks)
        wl.setup(sess)
        setup_s = time.perf_counter() - t0
        wl.timed(sess, seconds)
        rss_mb = tree_rss_mb(os.getpid())
        n_calls = len(sess.calls)
        overhead_ms = tracer.overhead_s * 1000.0 / n_calls
        texts = [d.text for d in wl.corpus.docs]
        if isinstance(wl, SearchHybrid):
            # the timed phase only searches: one edit cycle afterwards gives
            # the write and browse paths their per-layer numbers
            sess.phase = "probe"
            cyc = churn_cycles(seed, 1, "en")[0]
            edit_cycle(sess, cyc, len(wl.corpus.docs), resend=False)
            texts.append(cyc["text"])
        else:
            texts += [c["text"] for c in wl.cycles[:3]]
        tracer.request = None
        timed_searches = [r for r in hooks.records if r["op"] == "search" and r["phase"] == "timed"]
        legs = replay_legs(db, _search_args(wl)[:REPLAYS])
        files = count_files(store)
        text_metrics = standalone_text(texts)
        cat_dir = os.path.join(workdir, "catalog")
        catalog_slice.write_tables(cat_dir)
        catalog = catalog_slice.run_slice(spark, cat_dir, tracer)
    finally:
        httpd.shutdown()
        thread.join(timeout=30)
        httpd.server_close()
    spark.stop()

    st = self_times(tracer.spans)
    phase_of_req = {r["rid"]: r["phase"] for r in hooks.records}

    def span_ms(names: tuple[str, ...], self_time: bool = False) -> float:
        spans = [s for s in tracer.spans if s.name in names and s.request in phase_of_req]
        spans = _measured(spans, lambda s: phase_of_req[s.request])
        return _med([st[s.sid] if self_time else (s.end - s.start) * 1000.0 for s in spans])

    metrics = {
        "server.transport_ms": _med([r["transport_ms"] for r in _measured(
            hooks.records, lambda r: r["phase"])]),
        "api.search_self_ms": span_ms(("api.search",), self_time=True),
        "embedder.query_ms": span_ms(("embedder.embed_query",)),
        **text_metrics,
        "ingest.batch_ms": span_ms(("plan.ingest_batch",)),
        "store.read_ms": span_ms(("store.read",)),
        "store.files": files,
        "store.append_ms": span_ms(("store.append",)),
        "store.delete_ms": span_ms(("store.delete_document",)),
        "store.list_ms": span_ms(("store.list_documents", "store.list_libraries")),
        "knn.topk_ms": legs["knn"],
        "bm25.topk_ms": legs["bm25"],
        "hybrid.rrf_ms": legs["rrf"],
    }
    for op in ("search", "ingest", "delete", "browse"):
        recs = _measured([r for r in hooks.records if r["op"] == op], lambda r: r["phase"])
        for key in ("jobs", "stages", "tasks", "executor_ms", "driver_ms", "shuffle_mb"):
            metrics[f"spark.{key}_per_{op}"] = _med([r[key] for r in recs])
    metrics["spark.server_rss_mb"] = rss_mb
    for q, r in catalog.items():
        metrics[f"catalog.{q}_s"] = r["s"]
        metrics[f"catalog.{q}.jobs"] = r["jobs"]
    metrics["trace.overhead_ms_per_request"] = overhead_ms

    detail = {
        "setup_s": setup_s,
        "timed_search_p50_ms": _med([r["latency_ms"] for r in timed_searches]),
        "timed_request_mean_ms": statistics.fmean(
            [r["latency_ms"] for r in hooks.records if r["phase"] == "timed"]),
        "catalog": catalog,
        "failures": sess.failures,
        "calls": len(sess.calls),
        "failed": sum(not c.ok for c in sess.calls),
    }
    return metrics, {"detail": detail, "spans": tracer, "records": hooks.records,
                     "session": sess}


def _search_args(wl) -> list[dict]:
    """Arguments of the workload's timed searches, in the order it sends them."""
    if isinstance(wl, SearchHybrid):
        return [r["args"] for r in wl.requests]
    return [{"query": c["token"], "top_k": 5, "library": c["library"]} for c in wl.cycles]


def write_outputs(out_dir: str, metrics: dict, extra: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    extra["spans"].dump(os.path.join(out_dir, "spans.jsonl"))
    with open(os.path.join(out_dir, "requests.jsonl"), "w") as f:
        for r in extra["records"]:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump({"metrics": metrics, "detail": extra["detail"]}, f, indent=1, default=str)
