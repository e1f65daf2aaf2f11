"""API facade: the reference's 9-tool surface — parameter validation bounds,
error envelopes, result dict shapes (docs/mcp-tool-spec.md contract)."""

import gc
import warnings

import pytest

from mcpvectordb_spark.api import VectorDB
from mcpvectordb_spark.config import TEST
from mcpvectordb_spark.converter import convert_bytes
from mcpvectordb_spark.obs import spark_work


@pytest.fixture()
def db(spark, tmp_path):
    return VectorDB(spark, str(tmp_path / "store"), TEST)


def test_ingest_content_and_search_roundtrip(db):
    r = db.ingest_content("# Guide\n\n" + "the search term xylophone appears here " * 10,
                          source="g.md", library="music")
    assert r["status"] == "indexed" and r["chunk_count"] >= 1
    hits = db.search("xylophone", top_k=3)
    assert hits["status"] == "ok" and hits["results"]
    top = hits["results"][0]
    assert top["library"] == "music" and "xylophone" in top["content"]
    assert set(top) >= {"id", "doc_id", "source", "title", "score", "metadata", "chunk_index"}


def test_search_validation_and_fallback(db):
    db.ingest_content("some indexed text here for the corpus", source="a", library="l")
    assert db.search("")["status"] == "error"
    assert db.search("x", top_k=0)["status"] == "error"
    assert db.search("x", top_k=101)["status"] == "error"
    assert db.search("x", filter={"bad key": 1})["status"] == "error"
    # MCP arguments arrive as JSON values of any type: a wrong type gets an
    # error envelope naming the field, never an internal error
    for bad in ("5", True, 5.0, [5]):
        out = db.search("x", top_k=bad)
        assert out["status"] == "error" and "top_k" in out["error"], bad
    for bad in (5, None, ["x"]):
        out = db.search(bad)
        assert out["status"] == "error" and "query" in out["error"], bad
    assert db.search("x", diversify="0.5")["status"] == "error"
    # vector-only fallback flag (reference config.py:59 / store.py:306-320)
    from dataclasses import replace

    db.config = replace(TEST, hybrid_search_enabled=False)
    assert db.search("some text", top_k=2)["status"] == "ok"


def test_search_library_scope_and_filter(db):
    db.ingest_content("alpha content words " * 10, source="a.pdf", library="lib1")
    db.ingest_content("alpha content words " * 10, source="b.txt", library="lib2")
    only1 = db.search("alpha", top_k=10, library="lib1")
    assert {r["library"] for r in only1["results"]} == {"lib1"}
    pdf_only = db.search("alpha", top_k=10, filter={"file_type": "pdf"})
    assert {r["file_type"] for r in pdf_only["results"]} == {"pdf"}


def test_document_lifecycle(db):
    r = db.ingest_content("# Doc\n\ncontent body here", source="d.md", library="default")
    doc_id = r["doc_id"]
    got = db.get_document(doc_id)
    assert got["status"] == "ok" and got["content"].startswith("# Doc")
    listed = db.list_documents()
    assert listed["count"] == 1 and listed["documents"][0]["doc_id"] == doc_id
    libs = db.list_libraries()
    assert libs["libraries"][0]["library"] == "default"
    info = db.server_info()
    assert info["documents"] == 1 and info["chunks"] >= 1
    deleted = db.delete_document(doc_id)
    assert deleted["status"] == "deleted" and deleted["deleted_chunks"] >= 1  # spec status value
    assert db.get_document(doc_id)["status"] == "error"
    assert db.delete_document(doc_id)["status"] == "error"
    # post-delete search is empty, not an error (TC-14)
    assert db.search("content body")["results"] == []


def test_ingest_file_and_folder(db, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "one.md").write_text("# One\n\n" + "first document words " * 20)
    (d / "two.txt").write_text("second document words " * 20)
    (d / "bad.pdf").write_bytes(b"%PDF-fake")
    single = db.ingest_file(str(d / "one.md"), library="files")
    assert single["status"] == "indexed"
    bulk = db.ingest_folder(str(d), library="files")
    assert bulk["status"] == "completed"
    assert bulk["skipped"] == 1      # one.md already ingested, identical
    assert bulk["indexed"] == 1      # two.txt
    assert bulk["failed"] == 1       # bad.pdf → converter stub error
    assert bulk["errors"][0]["source"].endswith("bad.pdf")
    with pytest.raises(Exception) as converter_error:
        convert_bytes(b"%PDF-fake", "pdf")
    assert bulk["errors"][0]["error"] == f"{converter_error.type.__name__}: {converter_error.value}"
    assert db.ingest_file(str(d / "ghost.md"))["status"] == "error"
    assert db.ingest_folder(str(d / "ghost"))["status"] == "error"


def test_ingest_file_closes_its_file(db, tmp_path):
    # a failing conversion still reads the file, and needs no Spark job
    f = tmp_path / "bad.pdf"
    f.write_bytes(b"%PDF-fake")
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always", ResourceWarning)
        assert db.ingest_file(str(f))["status"] == "error"
        gc.collect()  # an unclosed handle warns when it is collected
    assert not [w for w in seen if str(f) in str(w.message)]


def test_ingest_url_validation(db):
    assert db.ingest_url("ftp://nope")["status"] == "error"
    assert db.ingest_url("http://127.0.0.1:1/unreachable")["status"] == "error"


def test_server_info_path_check(db, tmp_path):
    f = tmp_path / "probe.txt"
    f.write_text("hello")
    ok = db.server_info(check_path=str(f))["path_check"]
    assert ok["readable"] is True and ok["size_bytes"] == 5
    bad = db.server_info(check_path=str(tmp_path / "ghost"))["path_check"]
    assert bad["readable"] is False and "error" in bad
    assert "path_check" not in db.server_info()


def test_search_result_spec_fields(db):
    """Every field of the reference's search result contract
    (docs/mcp-tool-spec.md:121-143) must be present."""
    db.ingest_content("# T\n\nspec contract check text " * 10, source="s.md", library="l")
    r = db.search("contract", top_k=1)["results"][0]
    spec_fields = {"doc_id", "source", "title", "library", "file_type",
                   "last_modified", "page", "content", "chunk_index", "metadata"}
    assert spec_fields <= set(r)


def test_search_highlight_snippets(db):
    db.ingest_content("alpha beta gamma delta epsilon " * 20 + "the needle sentence here "
                      + "zeta eta theta " * 20, "hl.md", "hl")
    out = db.search("needle sentence", library="hl", highlight=True)
    assert out["status"] == "ok" and out["results"]
    snip = out["results"][0]["snippet"]
    assert "**needle**" in snip and len(snip) < 120
    # without the flag the field is absent (reference-shaped result dict)
    plain = db.search("needle sentence", library="hl")
    assert "snippet" not in plain["results"][0]


def test_search_diversify_spreads_documents(spark, tmp_path):
    """diversify=λ reranks with MMR: ingest one doc whose chunks are
    near-identical plus a distinct doc; plain search's top-2 is the clone
    doc twice, diversified top-2 spans both docs."""
    from mcpvectordb_spark.api import VectorDB
    from mcpvectordb_spark.config import TEST

    db = VectorDB(spark, str(tmp_path / "db"), TEST)
    clone_text = ("alpha beta gamma delta shared phrasing " * 30).strip()
    r1 = db.ingest_content(clone_text + "\n\n" + clone_text + " tail",
                           source="clones.txt", library="L")
    r2 = db.ingest_content("totally different subject matter entirely " * 20,
                           source="other.txt", library="L")
    assert r1["status"] != "error" and r2["status"] != "error"

    plain = db.search("alpha beta gamma", top_k=3, library="L")
    assert plain["status"] == "ok"
    assert len({r["doc_id"] for r in plain["results"]}) == 1  # clones monopolize

    div = db.search("alpha beta gamma", top_k=3, library="L", diversify=0.3)
    assert div["status"] == "ok"
    docs = {r["doc_id"] for r in div["results"]}
    assert len(div["results"]) == 3
    assert len(docs) == 2, "diversified top-3 must reach the second document"

    bad = db.search("alpha", diversify=1.5)
    assert bad["status"] == "error"


def test_delete_where_and_snapshot_api(spark, tmp_path):
    """Predicate delete drops whole documents; snapshot/restore round-trip
    through the public API envelopes."""
    from mcpvectordb_spark.api import VectorDB
    from mcpvectordb_spark.config import TEST

    db = VectorDB(spark, str(tmp_path / "db"), TEST)
    db.ingest_content("alpha text " * 30, source="a.txt", library="L1")
    db.ingest_content("beta text " * 30, source="b.txt", library="L1")
    db.ingest_content("gamma text " * 30, source="c.md", library="L2")

    snap = db.snapshot(tag="before-delete")
    assert snap["status"] == "ok" and snap["version"] == 1

    # refuse a full truncate
    assert db.delete_where()["status"] == "error"
    # bad filter key -> error envelope, not exception
    assert db.delete_where(filter={"bad key": 1})["status"] == "error"

    out = db.delete_where(library="L1", filter={"source": "a.txt"})
    assert out["status"] == "deleted" and out["deleted_chunks"] >= 1
    docs = db.list_documents(library="L1")["documents"]
    assert {d["source"] for d in docs} == {"b.txt"}

    # whole-library delete
    out2 = db.delete_where(library="L2")
    assert out2["status"] == "deleted"
    assert db.list_documents(library="L2")["documents"] == []

    restored = db.restore(1)
    assert restored["status"] == "ok"
    libs = {entry["library"] for entry in db.list_libraries()["libraries"]}
    assert libs == {"L1", "L2"}
    tags = [s["tag"] for s in db.list_snapshots()["snapshots"]]
    assert "before-delete" in tags and "pre-restore" in tags


def test_every_config_field_is_read_by_the_engine():
    """EngineConfig carries no knob that no engine code reads."""
    import dataclasses
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "mcpvectordb_spark"
    code = "\n".join(p.read_text() for p in pkg.rglob("*.py") if p.name != "config.py")
    assert [f.name for f in dataclasses.fields(TEST)
            if not re.search(rf"\.{f.name}\b", code)] == []


def test_ingest_rejects_empty_or_non_str_names_and_non_dict_metadata(db, tmp_path):
    """An empty library would land in Spark's null partition and read back as
    null; a None library indexed a null library under a null doc_id.  Every
    ingest entry point answers with an error envelope naming the argument,
    and nothing reaches the store."""
    cases = [("library", ""), ("library", None), ("library", 3),
             ("source", ""), ("source", None), ("source", 7),
             ("metadata", "x"), ("metadata", [1])]
    for name, value in cases:
        args = {"source": "n.md", "library": "notes", name: value}
        out = db.ingest_content("some note text", **args)
        assert out["status"] == "error" and name in out["error"], (name, value)
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text("folder note text")
    assert "library" in db.ingest_file(str(d / "a.md"), library="")["error"]
    for name, value in [("library", ""), ("library", None), ("metadata", "x"), ("folder", None)]:
        args = {"folder": str(d), name: value}
        out = db.ingest_folder(**args)
        assert out["status"] == "error" and name in out["error"], (name, value)
    assert db.list_libraries()["libraries"] == []


def _stable_notes(db, n=4):
    for i in range(n):
        r = db.ingest_content(f"stable note {i} about isolation " * 5, source=f"stable{i}.md", library="c")
        assert r["status"] == "indexed"
    return {f"stable{i}.md" for i in range(n)}


def test_search_reads_the_version_it_started_on(db):
    """A search reads the store version its read() resolved to the end: a
    delete committed between read() and collect() — here from inside the
    query embedding, which runs in between — changes nothing it returns
    and raises nothing."""
    _stable_notes(db)
    want = db.search("isolation", top_k=20, library="c")
    victim = want["results"][0]["doc_id"]
    embed_query = db.embedder.embed_query
    deleted = []

    def embed_then_delete(text):
        if not deleted:
            deleted.append(db.store.delete_document(victim))
        return embed_query(text)

    db.embedder.embed_query = embed_then_delete
    got = db.search("isolation", top_k=20, library="c")
    del db.embedder.embed_query
    assert deleted and deleted[0] > 0
    assert got == want
    after = db.search("isolation", top_k=20, library="c")
    assert victim not in {r["doc_id"] for r in after["results"]}


def test_searches_beside_ingest_and_delete_see_whole_versions(db):
    """One thread searches a library while another ingests and deletes
    throwaway documents in it: no search fails and every one sees all the
    stable documents."""
    import threading

    stable = _stable_notes(db)
    stop = threading.Event()
    seen, errors = [], []

    def search_until_stopped():
        while not stop.is_set():
            try:
                out = db.search("stable isolation", top_k=50, library="c")
                seen.append(stable <= {r["source"] for r in out.get("results", [])}
                            and out["status"] == "ok")
            except Exception as exc:  # a failed read surfaces here
                errors.append(exc)

    searcher = threading.Thread(target=search_until_stopped)
    searcher.start()
    try:
        for i in range(10):
            r = db.ingest_content(f"throwaway note {i} " * 20, source=f"tmp{i}.md", library="c")
            assert db.delete_document(r["doc_id"])["status"] == "deleted"
    finally:
        stop.set()
        searcher.join(timeout=120)
    assert not searcher.is_alive()
    assert errors == []
    assert seen and all(seen), f"{seen.count(False)} of {len(seen)} searches missed a stable document"


def _versions(db):
    import os

    log = os.path.join(db.store.path, "_log")
    return max(int(n[: -len(".json")]) for n in os.listdir(log) if n.endswith(".json"))


def test_edit_session_job_budgets(spark, db):
    """The per-call Spark jobs of an edit session: the dedup gate, the
    browse calls and delete planning are served from the document index,
    and a note's chunk → embed → write is its ingest's only job."""
    def jobs(fn, *args, **kwargs):
        with spark_work(spark, "edit call") as work:
            out = fn(*args, **kwargs)
        return out, work.jobs

    for i in range(3):
        db.ingest_content(f"# Kept {i}\n\n" + f"kept note {i} body " * 40, source=f"kept{i}.md", library="notes")
    note = {"content": "# Note\n\n" + "a note about budgets " * 120, "source": "note.md", "library": "notes"}

    res, n = jobs(db.ingest_content, **note)
    assert res["status"] == "indexed" and n <= 1, n
    res, n = jobs(db.ingest_content, **note)
    assert res["status"] == "skipped" and n == 0, n
    before = _versions(db)
    res, n = jobs(db.ingest_content, **{**note, "content": note["content"] + " changed"})
    assert res["status"] == "replaced" and n <= 1, n
    assert _versions(db) == before + 1
    doc_id, chunks = res["doc_id"], res["chunk_count"]

    for call in (lambda: db.list_documents(library="notes"), db.list_libraries, db.server_info,
                 lambda: db.delete_document("no-such-doc")):
        _, n = jobs(call)
        assert n == 0, (call, n)
    res, n = jobs(db.delete_document, doc_id)
    assert res["deleted_chunks"] == chunks and n <= 1, (res, n)
    assert db.list_libraries()["libraries"] == [
        {"library": "notes", "document_count": 3, "chunk_count": db.store.read().count()}
    ]


def test_warm_folder_ingest_job_budget(spark, tmp_path):
    """A warm folder ingest runs 3 Spark jobs: the key collect that fills
    the batch's cache, then the write's shuffle to its file count and the
    write.  Chunking and embedding run in a stage at least as wide as the
    cores (or the files, if fewer)."""
    d = tmp_path / "docs"
    d.mkdir()
    n = 24
    for i in range(n):
        (d / f"n{i:02d}.md").write_text(f"# Note {i}\n\n" + f"folder note {i} words " * (20 + 7 * i))
    VectorDB(spark, str(tmp_path / "warm"), TEST).ingest_folder(str(d))
    db = VectorDB(spark, str(tmp_path / "store"), TEST)
    with spark_work(spark, "ingest_folder") as work:
        res = db.ingest_folder(str(d))
    assert res["indexed"] == n and res["failed"] == 0, res
    assert work.jobs <= 3, work.jobs
    # the first stage is the key collect; the chunk/embed stage follows it
    want = min(spark.sparkContext.defaultParallelism, n)
    assert max(s["tasks"] for s in work.per_stage[1:]) >= want, work.per_stage
    assert db.list_libraries()["libraries"][0]["chunk_count"] == db.store.read().count()


def test_ingest_folder_lists_errors_in_source_order(db, tmp_path):
    """read_folder promises no row order; ingest_folder's errors still come
    in source order, as the reference's sorted glob lists the files."""
    d = tmp_path / "docs"
    d.mkdir()
    # later names are larger files, and a file scan lists larger files
    # first: scan order is the reverse of source order
    names = ["a.pdf", "b.pdf", "c.pdf", "d.pdf"]
    for i, name in enumerate(names):
        (d / name).write_bytes(b"%PDF-fake" + b" " * (1000 * i))
    (d / "ok.md").write_text("# Ok\n\n" + "fine words " * 30)
    res = db.ingest_folder(str(d), library="errs")
    assert (res["indexed"], res["failed"]) == (1, 4), res
    assert [e["source"].rsplit("/", 1)[-1] for e in res["errors"]] == names
