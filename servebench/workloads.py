"""The two serving workloads: set-up, timed phase and correctness checks.

Both drive the server only through MCP ``tools/call``.  A ``Session`` sends
one call at a time, records its latency and phase, and counts a call as
failed when it returns an error or breaks a correctness check.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from servebench.corpus import (
    KIND_PATTERN, LIBRARY_OF_LANG, Corpus, churn_cycles, digest, make_corpus,
    search_requests,
)

OP_OF_TOOL = {
    "search": "search", "ingest_folder": "ingest", "ingest_content": "ingest",
    "delete_document": "delete", "list_documents": "browse", "get_document": "browse",
    "list_libraries": "browse",
}

# Corpus sizes.  search_hybrid holds every document in the store for the
# whole timed phase, in three libraries; library_churn keeps one
# small library, so its searches are mostly fixed per-request cost and each
# delete or replace rewrites that library's partition.
SEARCH_DOCS, SEARCH_NEEDLES = 1000, 40
CHURN_DOCS, CHURN_NEEDLES = 300, 0
CHURN_LIBRARY = "notes"   # one library: the notes the user keeps editing
# Search latency still falls over the first dozen requests after start-up
# (JIT compilation): warm-up searches keep the timed ones off that slope.
SEARCH_WARMUP = 5
# Seconds one search block or one edit cycle took when this benchmark was
# added, on a 4-core host.  ``--seconds`` is turned into a count of blocks
# or cycles at this cost, so the timed requests do not depend on how fast
# the server is: a faster commit times the same requests, not more of them.
UNIT_S = 12.5


def units(seconds: float) -> int:
    """Whole search blocks or edit cycles to time for ``seconds``."""
    return max(1, round(seconds / UNIT_S))


@dataclass
class Call:
    rid: str
    tool: str
    op: str
    phase: str
    latency_s: float
    ok: bool
    error: str | None = None


@dataclass
class Session:
    client: object
    hooks: object | None = None
    phase: str = "setup"
    calls: list[Call] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    response_digests: list[str] = field(default_factory=list)

    def call(self, tool: str, args: dict) -> dict | None:
        rid = f"r{len(self.calls):05d}"
        if self.hooks is not None:
            self.hooks.before(rid)
        latency, result, err = self.client.call(tool, args)
        c = Call(rid, tool, OP_OF_TOOL[tool], self.phase, latency, err is None, err)
        self.calls.append(c)
        if err is not None:
            self.failures.append(f"{rid} {tool}: {err}")
        if self.hooks is not None:
            self.hooks.after(c)
        return result if err is None else None

    def check(self, cond: bool, msg: str) -> bool:
        if not cond:
            last = self.calls[-1]
            self.failures.append(f"{last.rid} {last.tool}: {msg}")
            last.ok = False
        return cond

    def timed_latencies(self, op: str) -> list[float]:
        return [c.latency_s for c in self.calls if c.op == op and c.phase == "timed"]


def write_corpus(corpus: Corpus, docs_dir: str, library_of) -> None:
    """One file per document under ``docs_dir/<library>/``."""
    for d in corpus.docs:
        lib = library_of(d)
        os.makedirs(os.path.join(docs_dir, lib), exist_ok=True)
        with open(os.path.join(docs_dir, lib, d.filename), "w") as f:
            f.write(d.text)


def bulk_ingest(sess: Session, docs_dir: str, libraries: dict[str, int]) -> tuple[int, float]:
    """One ``ingest_folder`` per library: ``libraries`` maps each library to
    the number of documents under ``docs_dir/<library>``.  Returns (chunks
    stored, wall seconds of the ingest calls)."""
    t = time.perf_counter()
    for lib, n in libraries.items():
        res = sess.call("ingest_folder", {"folder": os.path.join(docs_dir, lib), "library": lib})
        if res is not None:
            sess.check(res["indexed"] == n and res["failed"] == 0,
                       f"ingest_folder {lib}: {res['indexed']}/{n} indexed, "
                       f"{res['failed']} failed")
    secs = time.perf_counter() - t
    res = sess.call("list_libraries", {})
    if res is None:
        return 0, secs
    docs = {lib["library"]: lib["document_count"] for lib in res["libraries"]}
    sess.check(docs == libraries, f"list_libraries after import: {docs}")
    return sum(lib["chunk_count"] for lib in res["libraries"]), secs


# ---------------------------------------------------------------------------
# search_hybrid

def check_search(sess: Session, req: dict, res: dict) -> None:
    args, rows = req["args"], res["results"]
    # every scope in the corpus holds at least top_k chunks, so
    # min(top_k, matches) is top_k
    sess.check(len(rows) == args["top_k"], f"{len(rows)} rows for top_k={args['top_k']}")
    if "library" in args:
        sess.check(all(r["library"] == args["library"] for r in rows), "library scope broken")
    if "filter" in args:
        sess.check(all(r["file_type"] == "md" for r in rows), "filter broken")
    scores = [r["score"] for r in rows]
    sess.check(scores == sorted(scores, reverse=True), "results not sorted by score")
    if req["expect"] is not None:
        sess.check(any(r["source"].endswith("/" + req["expect"]) for r in rows),
                   f"needle {args['query']} did not return {req['expect']}")
    sess.response_digests.append(
        digest((args, [(r["id"], round(r["score"], 9)) for r in rows])))


class SearchHybrid:
    name = "search_hybrid"

    def __init__(self, seed: int):
        self.corpus = make_corpus(seed, SEARCH_DOCS, SEARCH_NEEDLES)
        self.requests = search_requests(self.corpus, seed, 400)
        self.warmup = search_requests(self.corpus, seed + 1_000_003, SEARCH_WARMUP)
        self.libraries = {}
        for d in self.corpus.docs:
            lib = LIBRARY_OF_LANG[d.lang]
            self.libraries[lib] = self.libraries.get(lib, 0) + 1
        if min([*self.libraries.values(), sum(d.ext == "md" for d in self.corpus.docs)]) < 10:
            raise ValueError("a search scope holds fewer than 10 documents")

    def prepare(self, workdir: str) -> None:
        self.docs_dir = os.path.join(workdir, "docs")
        write_corpus(self.corpus, self.docs_dir, lambda d: LIBRARY_OF_LANG[d.lang])

    def setup(self, sess: Session) -> dict:
        chunks, secs = bulk_ingest(sess, self.docs_dir, self.libraries)
        sess.phase = "warmup"
        for req in self.warmup:
            res = sess.call("search", req["args"])
            if res is not None:
                check_search(sess, req, res)
        sess.response_digests.clear()
        return {"chunks": chunks, "ingest_s": secs}

    def timed(self, sess: Session, seconds: float) -> None:
        """Whole blocks of requests, as many as ``seconds`` holds at
        ``UNIT_S`` each, so every run times the same mix."""
        sess.phase = "timed"
        for j in range(units(seconds) * len(KIND_PATTERN)):
            req = self.requests[j % len(self.requests)]
            res = sess.call("search", req["args"])
            if res is not None:
                check_search(sess, req, res)


# ---------------------------------------------------------------------------
# library_churn

def edit_cycle(sess: Session, cyc: dict, n_live_docs: int, resend: bool = True) -> None:
    """New note → find it → re-send unchanged (skipped) → send a changed
    version (replaced) → browse → delete → it is gone.  Without ``resend``
    (the untimed warm-up and the traced probe) the two re-sends are left
    out: they run the ingest path again, which the first send warmed."""
    lib, token = cyc["library"], cyc["token"]
    note = {"content": cyc["text"], "source": cyc["source"], "library": lib}
    res = sess.call("ingest_content", note)
    if res is None or not sess.check(res["status"] == "indexed" and res["chunk_count"] >= 2,
                                     f"new note: {res}"):
        return
    doc, n_chunks = res["doc_id"], res["chunk_count"]
    res = sess.call("search", {"query": token, "top_k": 5})
    if res is not None:
        sess.check(doc in [r["doc_id"] for r in res["results"]], "new note not searchable")
    if resend:
        res = sess.call("ingest_content", note)
        if res is not None:
            sess.check(res["status"] == "skipped", f"unchanged note: {res['status']}")
        res = sess.call("ingest_content", {**note, "content": cyc["changed"]})
        n_chunks = None
        if res is not None and sess.check(res["status"] == "replaced", f"changed note: {res}"):
            n_chunks = res["chunk_count"]
    res = sess.call("list_documents", {"library": lib})
    if res is not None:
        sess.check(doc in [d["doc_id"] for d in res["documents"]], "note not listed")
    res = sess.call("get_document", {"doc_id": doc})
    if res is not None:
        sess.check(token in res["content"] and res["chunk_count"] == n_chunks,
                   "get_document content or chunk count")
    res = sess.call("list_libraries", {})
    if res is not None:
        total = sum(lib_["document_count"] for lib_ in res["libraries"])
        sess.check(total == n_live_docs + 1, f"{total} documents listed, expected "
                                             f"{n_live_docs + 1}")
    res = sess.call("delete_document", {"doc_id": doc})
    if res is not None:
        sess.check(res["status"] == "deleted" and res["deleted_chunks"] == n_chunks,
                   f"delete: {res}, expected {n_chunks} chunks")
    res = sess.call("search", {"query": token, "top_k": 5, "library": lib})
    if res is not None:
        sess.check(doc not in [r["doc_id"] for r in res["results"]],
                   "deleted note still searchable")
        sess.response_digests.append(digest([(r["id"], round(r["score"], 9))
                                             for r in res["results"]]))


class LibraryChurn:
    name = "library_churn"

    def __init__(self, seed: int):
        self.corpus = make_corpus(seed, CHURN_DOCS, CHURN_NEEDLES)
        self.cycles = churn_cycles(seed, 60, CHURN_LIBRARY)
        self.libraries = {CHURN_LIBRARY: len(self.corpus.docs)}

    def prepare(self, workdir: str) -> None:
        self.docs_dir = os.path.join(workdir, "docs")
        write_corpus(self.corpus, self.docs_dir, lambda d: CHURN_LIBRARY)

    def setup(self, sess: Session) -> dict:
        chunks, secs = bulk_ingest(sess, self.docs_dir, self.libraries)
        sess.phase = "warmup"
        edit_cycle(sess, self.cycles[0], len(self.corpus.docs), resend=False)
        sess.response_digests.clear()
        return {"chunks": chunks, "ingest_s": secs}

    def timed(self, sess: Session, seconds: float) -> None:
        """Whole cycles, as many as ``seconds`` holds at ``UNIT_S`` each,
        so every run times the same mix of calls."""
        sess.phase = "timed"
        for i in range(1, units(seconds) + 1):
            edit_cycle(sess, self.cycles[i % len(self.cycles)], len(self.corpus.docs))


WORKLOADS = {w.name: w for w in (SearchHybrid, LibraryChurn)}
