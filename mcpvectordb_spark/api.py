"""Public API facade — the reference's complete tool surface, re-expressed.

One function per MCP tool of the reference (/root/reference/src/mcpvectordb/
server.py:64-420: ingest_file, ingest_url, ingest_content, ingest_folder,
search, list_documents, list_libraries, delete_document, get_document,
server_info), with the same parameter names, validation bounds and result
dict shapes (the behavioral contract of docs/mcp-tool-spec.md).  A user of
the reference can switch to this engine and call the same operations.

Error envelope: like the reference, API calls return
``{"status": "error", "error": ...}`` instead of raising
(docs/mcp-tool-spec.md:287-296); programming errors still raise.
"""

from __future__ import annotations

import functools
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from mcpvectordb_spark.config import DEFAULT, EngineConfig
from mcpvectordb_spark.embedder import Embedder, HashEmbedder
from mcpvectordb_spark.ingest import ingest_batch

# bm25_topk, rrf_topk, knn_topk are unused here: the traced benchmark run wraps them by name
from mcpvectordb_spark.operators.bm25 import bm25_topk  # noqa: F401
from mcpvectordb_spark.operators.hybrid import hybrid_search, rrf_topk  # noqa: F401
from mcpvectordb_spark.operators.knn import knn_topk  # noqa: F401
from mcpvectordb_spark.store import ChunkStore, InvalidFilterError, build_filter

# the chunk columns a search result carries (docs/mcp-tool-spec.md:121-143)
RESULT_COLS = ("id", "doc_id", "source", "title", "library", "content", "chunk_index",
               "metadata", "file_type", "page", "last_modified")


def _err(msg: str) -> dict:
    return {"status": "error", "error": msg}


def _ingest_arg_error(metadata, **names) -> dict | None:
    """Error envelope for an empty or non-str name argument or a non-dict
    ``metadata``: Spark would store an empty library as its null partition
    and index a null library under a null doc_id."""
    for name, value in names.items():
        if not isinstance(value, str) or not value:
            return _err(f"{name} must be a non-empty string")
    if metadata is not None and not isinstance(metadata, dict):
        return _err("metadata must be an object")
    return None


def _pinned(method):
    """Run a read-only call inside the store's read pin, so the version it
    resolves stays readable until its collect() has returned."""
    @functools.wraps(method)
    def call(self, *args, **kwargs):
        with self.store.pinned():
            return method(self, *args, **kwargs)
    return call


class VectorDB:
    """Session-scoped engine handle: SparkSession + store path + embedder.

    The reference opens a cheap LanceDB connection per call
    (store.py:156-160); here the SparkSession is the long-lived context and
    this object is a thin façade over it.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        config: EngineConfig = DEFAULT,
        embedder: Embedder | None = None,
    ):
        self.spark = spark
        self.config = config
        self.store = ChunkStore(spark, path, config)
        self.embedder = embedder or HashEmbedder(dim=config.embedding_dim, config=config)

    def _embedder_factory(self):
        """Closure shipping ONLY the embedder to executors — capturing
        ``self`` would drag the SparkSession into the UDF pickle."""
        emb = self.embedder
        return lambda: emb

    # -- ingestion ----------------------------------------------------------

    def ingest_content(self, content: str, source: str, library: str = "default",
                       metadata: dict | None = None) -> dict:
        """Reference server.py:138-177 — index already-extracted text."""
        if not content or not content.strip():
            return _err("content must be non-empty")
        if bad := _ingest_arg_error(metadata, source=source, library=library):
            return bad
        raw = self.spark.createDataFrame(
            [(source, library, content, json.dumps(metadata or {}))],
            "source string, library string, content string, metadata string",
        )
        res = ingest_batch(raw, self.store, self.config,
                           embedder_factory=self._embedder_factory()).collect()[0]
        return {
            "status": res["status"], "doc_id": res["doc_id"], "source": res["source"],
            "library": res["library"], "chunk_count": res["chunk_count"],
            **({"error": res["error"]} if res["error"] else {}),
        }

    def ingest_file(self, path: str, library: str = "default", metadata: dict | None = None) -> dict:
        """Reference server.py:64-99 — read, convert, index one local file."""
        import os

        from mcpvectordb_spark.converter import convert_bytes

        p = os.path.expanduser(path)
        if not os.path.isfile(p):
            return _err(f"file not found: {path}")
        ext = os.path.splitext(p)[1].lstrip(".").lower() or "unknown"
        try:
            with open(p, "rb") as f:
                text = convert_bytes(f.read(), ext)
        except Exception as exc:
            return _err(f"conversion failed: {exc}")
        return self.ingest_content(text, source=p, library=library, metadata=metadata)

    def ingest_url(self, url: str, library: str = "default", metadata: dict | None = None) -> dict:
        """Reference server.py:101-136 — fetch a URL and index it."""
        if not url.startswith(("http://", "https://")):
            return _err("url must be http(s)")
        from mcpvectordb_spark.converter import convert_bytes
        from mcpvectordb_spark.sources.files import fetch_urls

        row = fetch_urls(self.spark, [url], self.config).collect()[0]
        if row["fetch_error"]:
            return _err(f"fetch failed: {row['fetch_error']}")
        # pick the converter from the Content-Type header, falling back to
        # the URL extension, then html — blindly tag-stripping e.g. a
        # markdown or JSON response would mangle legitimate text
        ctype_map = {
            "text/html": "html", "application/xhtml+xml": "html",
            "text/markdown": "md", "text/plain": "txt", "text/csv": "csv",
            "application/json": "json", "text/xml": "xml", "application/xml": "xml",
        }
        ftype = ctype_map.get(row["content_type"] or "")
        if ftype is None:
            import re as _re

            m = _re.search(r"\.([A-Za-z0-9]+)(?:[?#].*)?$", url)
            ext = (m.group(1).lower() if m else "")
            ftype = ext if ext in ("md", "markdown", "txt", "csv", "json", "xml", "html", "htm") else "html"
        try:
            text = convert_bytes(bytes(row["raw_bytes"]), ftype)
        except Exception as exc:
            return _err(f"conversion failed: {exc}")
        return self.ingest_content(text, source=url, library=library, metadata=metadata)

    def ingest_folder(self, folder: str, library: str = "default", metadata: dict | None = None,
                      recursive: bool = True) -> dict:
        """Reference server.py:180-226 — bulk-ingest a folder as ONE batch
        DAG (the asyncio fan-out becomes scheduler parallelism; per-file
        failures become status rows, SURVEY §3.3)."""
        import os

        from mcpvectordb_spark.converter import convert_stage
        from mcpvectordb_spark.sources.files import read_folder

        if bad := _ingest_arg_error(metadata, folder=folder, library=library):
            return bad
        if not os.path.isdir(os.path.expanduser(folder)):
            return _err(f"folder not found: {folder}")
        files = read_folder(self.spark, os.path.expanduser(folder), recursive, self.config)
        # a file that fails to convert becomes a failed row carrying the
        # converter's message (ingest.prepare_batch passes convert_error on)
        raw = convert_stage(files).select(
            "source",
            F.lit(library).alias("library"),
            F.col("content"),
            F.lit(json.dumps(metadata or {})).alias("metadata"),
            "last_modified",
            "convert_error",
        )
        results = ingest_batch(raw, self.store, self.config,
                               embedder_factory=self._embedder_factory()).collect()
        by = {}
        for r in results:
            by[r["status"]] = by.get(r["status"], 0) + 1
        return {
            "status": "completed",
            "total": len(results),
            "indexed": by.get("indexed", 0),
            "replaced": by.get("replaced", 0),
            "skipped": by.get("skipped", 0),
            "failed": by.get("failed", 0),
            "errors": [
                {"source": r["source"], "error": r["error"]}
                for r in results if r["status"] == "failed"
            ],
        }

    # -- query --------------------------------------------------------------

    @_pinned
    def search(self, query: str, top_k: int | None = None, library: str | None = None,
               filter: dict | None = None, fusion: str = "rrf", highlight: bool = False,
               diversify: float | None = None) -> dict:  # noqa: A002 - reference param name
        """Reference server.py:228-289 — hybrid BM25+vector search with RRF,
        falling back to vector-only when hybrid is disabled (config.py:59).
        Filters are applied BEFORE ranking (mcp-tool-spec.md:110-111).

        Every mode runs one Spark plan over one filtered scan
        (operators/hybrid.py::hybrid_search): each row is scored once for
        both legs, one exchange gathers the scored rows, and the legs'
        cuts, ranks and fusion run as global windows, so a default search
        costs two Spark jobs and nothing joins back to the store.

        The vector leg is always the exact flat scan, as the reference's is
        below ~50k chunks; the coarse+refine scans (knn_topk_sq8 /
        knn_truncated_topk) serve the catalog, and ANN search sits behind
        maintained indexes (knn.IvfIndex / pq.IvfPqIndex).

        ``fusion``: "rrf" (reference default) or "blend" (convex score
        blend over min-max-normalized legs — beyond-reference option).
        ``highlight``: add a ``snippet`` field per result — a windowed
        excerpt with query terms marked (operators/bm25.py::highlight_col;
        beyond-reference).
        ``diversify``: MMR λ in (0, 1] — rerank the top candidate pool
        with maximal marginal relevance (operators/mmr.py) so near-identical
        chunks of one document stop monopolizing the result page; results
        come back in selection order with the MMR objective as score."""
        if not isinstance(query, str):
            return _err("query must be a string")
        if top_k is not None and (not isinstance(top_k, int) or isinstance(top_k, bool)):
            return _err("top_k must be an integer")
        if fusion not in ("rrf", "blend"):
            return _err("fusion must be 'rrf' or 'blend'")
        if diversify is not None and (
            not isinstance(diversify, (int, float)) or isinstance(diversify, bool)
            or not (0.0 < diversify <= 1.0)
        ):
            return _err("diversify must be in (0, 1]")
        top_k = self.config.top_k_default if top_k is None else top_k
        if not query.strip():
            return _err("query must be non-empty")
        if not (1 <= top_k <= self.config.top_k_max):
            return _err(f"top_k must be in [1, {self.config.top_k_max}]")
        try:
            pred = build_filter(library, filter)
        except InvalidFilterError as exc:
            return _err(str(exc))

        scope = self.store.read().filter(pred)
        qv = [float(x) for x in self.embedder.embed_query(query)]
        candidates = max(top_k, top_k * self.config.refine_factor)
        cfg = self.config
        ranked = hybrid_search(
            scope, qv, query if cfg.hybrid_search_enabled else None,
            candidates if diversify is not None else top_k, candidates,
            RESULT_COLS + (("embedding",) if diversify is not None else ()),
            fusion=fusion, k0=cfg.rrf_k0, k1=cfg.bm25_k1, b=cfg.bm25_b,
        )
        if diversify is not None:
            from mcpvectordb_spark.operators.mmr import mmr_rerank

            ranked = mmr_rerank(
                ranked, top_k, lam=diversify, id_col="id", vec_col="embedding",
                rel_col="score", carry=RESULT_COLS[1:],
            ).withColumnRenamed("mmr", "score")
        if highlight:
            from mcpvectordb_spark.operators.bm25 import highlight_col

            ranked = ranked.withColumn(
                "snippet", highlight_col(F.col("content"), query.lower().split())
            )
        rows = ranked.collect()
        return {
            "status": "ok",
            "results": [
                {
                    "id": r["id"], "doc_id": r["doc_id"], "source": r["source"],
                    "title": r["title"], "library": r["library"],
                    "content": r["content"], "chunk_index": r["chunk_index"],
                    "score": float(r["score"]),
                    "metadata": json.loads(r["metadata"] or "{}"),
                    "file_type": r["file_type"], "page": r["page"],
                    "last_modified": r["last_modified"],
                    **({"snippet": r["snippet"]} if highlight else {}),
                }
                for r in rows
            ],
        }

    @_pinned
    def list_documents(self, library: str | None = None, limit: int = 20, offset: int = 0) -> dict:
        """Reference server.py:291-320."""
        try:
            docs = self.store.list_documents(library, limit, offset)
        except ValueError as exc:
            return _err(str(exc))
        for d in docs:
            d["metadata"] = json.loads(d.get("metadata") or "{}")
        return {"status": "ok", "documents": docs, "count": len(docs)}

    @_pinned
    def list_libraries(self) -> dict:
        """Reference server.py:322-338."""
        return {"status": "ok", "libraries": self.store.list_libraries()}

    def delete_document(self, doc_id: str) -> dict:
        """Reference server.py:340-361 (spec: status 'deleted',
        docs/mcp-tool-spec.md:224)."""
        if not doc_id:
            return _err("doc_id must be non-empty")
        deleted = self.store.delete_document(doc_id)
        if deleted == 0:
            return _err(f"document not found: {doc_id}")
        return {"status": "deleted", "doc_id": doc_id, "deleted_chunks": deleted}

    def delete_where(self, library: str | None = None, filter: dict | None = None) -> dict:  # noqa: A002
        """Predicate-scoped delete (beyond reference): same filter contract
        as search (equality AND, key whitelist); whole documents drop.
        Requires at least one predicate — an empty filter would truncate
        the store, which deserves an explicit API, not a default."""
        if library is None and not filter:
            return _err("delete_where requires a library and/or filter")
        try:
            deleted = self.store.delete_where(library, filter)
        except InvalidFilterError as exc:
            return _err(str(exc))
        return {"status": "deleted", "deleted_chunks": deleted}

    def snapshot(self, tag: str | None = None) -> dict:
        """Create a zero-copy store snapshot (store.py::snapshot)."""
        version = self.store.snapshot(tag)
        return {"status": "ok", "version": version, "tag": tag}

    def list_snapshots(self) -> dict:
        return {"status": "ok", "snapshots": self.store.snapshots()}

    def restore(self, version: int) -> dict:
        """Roll the store back to a snapshot; the pre-restore state is
        auto-snapshotted (tag 'pre-restore') and its version returned."""
        try:
            safety = self.store.restore(version)
        except ValueError as exc:
            return _err(str(exc))
        return {"status": "ok", "restored": version, "pre_restore_version": safety}

    @_pinned
    def get_document(self, doc_id: str) -> dict:
        """Reference server.py:363-398."""
        if not doc_id:
            return _err("doc_id must be non-empty")
        doc = self.store.get_document(doc_id)
        if doc is None:
            return _err(f"document not found: {doc_id}")
        doc["metadata"] = json.loads(doc.get("metadata") or "{}")
        return {"status": "ok", **doc}

    @_pinned
    def server_info(self, check_path: str | None = None) -> dict:
        """Reference server.py:400-420 (spec docs/mcp-tool-spec.md:253-285):
        diagnostics + optional ``check_path`` readability probe."""
        import os
        import sys as _sys

        libs = self.store.list_libraries()
        info = {
            "status": "ok",
            "engine": "mcpvectordb_spark",
            "platform": _sys.platform,
            "python_version": _sys.version.split()[0],
            "spark_version": self.spark.version,
            "cwd": os.getcwd(),
            "store_path": self.store.path,
            "embedding_dim": self.config.embedding_dim,
            "hybrid_search_enabled": self.config.hybrid_search_enabled,
            "chunk_size_tokens": self.config.chunk_size_tokens,
            "libraries": len(libs),
            "documents": sum(l["document_count"] for l in libs),
            "chunks": sum(l["chunk_count"] for l in libs),
        }
        if check_path is not None:
            p = os.path.expanduser(check_path)
            probe: dict = {"path": check_path}
            try:
                probe["readable"] = os.path.isfile(p) and os.access(p, os.R_OK)
                if probe["readable"]:
                    probe["size_bytes"] = os.path.getsize(p)
                else:
                    probe["error"] = "not a readable file"
            except OSError as exc:
                probe["readable"] = False
                probe["error"] = str(exc)
            info["path_check"] = probe
        return info
