"""Engine configuration.

Mirrors the reference's settings surface (/root/reference/src/mcpvectordb/
config.py:44-106) — same defaults, same semantics — expressed as a plain
dataclass so tests and the driver can override per-call without env vars.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # Embedding contract (reference config.py:50-53).  The reference pins
    # nomic-embed-text-v1.5 at 768 dims; the dim is configuration, the
    # semantics are dimension-agnostic (testdata embeddings are 64-d).
    embedding_dim: int = 768
    embedding_batch_size: int = 32
    doc_prefix: str = "search_document: "   # embedder.py:14
    query_prefix: str = "search_query: "    # embedder.py:15

    # Chunking (reference config.py:63-65).
    chunk_size_tokens: int = 512
    chunk_overlap_tokens: int = 64
    chunk_min_tokens: int = 50

    # Search (reference config.py:59-60, server.py:253-254, 307-310).
    hybrid_search_enabled: bool = True
    refine_factor: int = 10
    top_k_default: int = 5
    top_k_max: int = 100
    list_limit_default: int = 20
    list_limit_max: int = 1000

    # Hybrid ranking constants.  The reference delegates BM25+RRF to LanceDB
    # (store.py:296-305); the exact constants are not visible from the repo,
    # so we declare the standard ones as our spec (SURVEY.md §7 risk b).
    bm25_k1: float = 1.2
    bm25_b: float = 0.75
    rrf_k0: int = 60

    # Ingestion (reference config.py:68, 104-105).
    max_upload_bytes: int = 50 * 1024 * 1024
    http_timeout_seconds: float = 10.0

    # Supported conversion formats (reference converter.py:13-39).
    supported_extensions: tuple[str, ...] = field(
        default=(
            "pdf", "docx", "doc", "pptx", "ppt", "xlsx", "xls",
            "html", "htm", "txt", "md", "markdown", "csv", "json", "xml",
            "jpg", "jpeg", "png", "gif", "webp",
            "mp3", "wav", "m4a", "flac",
            "zip",
        )
    )


DEFAULT = EngineConfig()

# Testdata-aligned config: /root/testdata embeddings are 64-d, and the
# synthetic documents are short, so tests/oracles chunk at a smaller size to
# actually exercise multi-chunk behavior.
TEST = EngineConfig(
    embedding_dim=64,
    chunk_size_tokens=32,
    chunk_overlap_tokens=8,
    chunk_min_tokens=4,
)
